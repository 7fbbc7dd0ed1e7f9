package graft.queries

import graft.functions.SyncFunctions._
import graft.operators.{SyncConfig, SyncPipeline}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** A-block: reference-surface operators (SURVEY.md §2.A). Each entry has a
  * DuckDB oracle mirroring the exact semantics. `msgs` is the
  * message-stream shape of the events table (built by SparkEntry). */
object ABlock {

  /** Synthetic partitioned-topic column used by rewrite/collapse demos:
    * `{event_type}-partition-{event_id % 3}`. */
  private def partitionedTopic: Column =
    concat(col("topic"), lit("-partition-"), pmod(col("msg_id"), lit(3)))

  private val rewriteRules =
    Seq(("click", "web"), ("view", "web"), ("purchase", "commerce"))

  /** SIZE-based index rollover generations (the ILM/rollover lifecycle
    * the reference's daily {topic}-{date} naming approximates by time —
    * es.rs:203-248): per-topic cumulative payload bytes in arrival
    * order (msg_id — monotone per stream), generation = (cum−1) div
    * 16 KiB, so an index closes once its byte budget fills. The window
    * is PARTITIONED by topic (parallel, never a global sort); one row
    * per closed generation. greatest(·,1) guards the cum=0 corner
    * (all-empty payloads), where floor vs truncating integer division
    * would disagree cross-engine on (0−1) div cap. Shared by
    * `sync_rollover` (creation readout) and `sync_expire_plan` (the
    * delete-phase decision). */
  private def rolloverGens(msgs: (SparkSession, String) => DataFrame,
      s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("topic")).orderBy(col("msg_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    msgs(s, dir)
      .withColumn("bytes", coalesce(length(col("data")).cast("long"), lit(0L)))
      .withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("gen", expr("(greatest(cum, 1) - 1) div 16384"))
      .groupBy(col("topic"), col("gen"))
      .agg(count(lit(1)).as("n_msgs"), sum(col("bytes")).as("gen_bytes"))
      .withColumn("index_name",
        concat(col("topic"), lit("-g"), col("gen").cast("string")))
      .select(col("topic"), col("gen"), col("index_name"),
        col("n_msgs"), col("gen_bytes"))
  }

  def queries(msgs: (SparkSession, String) => DataFrame)
      : Map[String, (SparkSession, String) => DataFrame] = Map(

    "sync_rollover" -> ((s, dir) => {
      rolloverGens(msgs, s, dir).orderBy(col("topic"), col("gen"))
    }),

    "sync_ack_ledger_stream" -> ((s, dir) => {
      // the ledger maintained as a LIVE streaming aggregation: the
      // AckLedgerAggregator keeps the acked-seq set as DISJOINT
      // INTERVALS in aggregation state (the Pulsar-cursor range
      // compression — O(holes), never O(messages)) and interval-set
      // union is a commutative monoid, so 3 real micro-batches in any
      // arrival order drain to the batch ledger exactly —
      // sync_ack_ledger's own oracle anchors it
      val w = Window.partitionBy(col("topic")).orderBy(col("msg_id"))
      val base = msgs(s, dir)
        .withColumn("seq", row_number().over(w).cast("long"))
        .withColumn("acked",
          (pmod(col("msg_id"), lit(20L)) =!= 0L).cast("int"))
        .withColumn("batch", pmod(col("msg_id"), lit(3L)))
        .select(col("topic"), col("seq"), col("acked"), col("batch"))
      graft.streaming.StreamedBatch.ackLedgerStreamed(s, base, nBatches = 3)
        .select(col("topic"), col("ledger.n_msgs").as("n_msgs"),
          col("ledger.mark_delete").as("mark_delete"),
          col("ledger.n_holes").as("n_holes"))
        .orderBy(col("topic"))
    }),

    "sync_rate_limit_sweep" -> ((s, dir) => {
      // rate-limit POLICY sweep (the q_session_sweep pattern on A11):
      // hourly caps {1, 2, 5} swept in ONE scan — 3-row arm table
      // broadcast, admission rank windows PARTITIONED by (cap, app,
      // window); per arm the admitted/rejected split and how many
      // windows saturate — the data an operator needs to SET the cap
      // the config hard-codes
      val ss2 = s; import ss2.implicits._
      val arms = Seq(1L, 2L, 5L).toDF("cap")
      val w = Window.partitionBy(col("cap"), col("app"), col("win"))
        .orderBy(col("publish_time"), col("msg_id"))
      val perWin = msgs(s, dir).withColumn("app", col("topic"))
        .withColumn("win", date_trunc("hour", col("publish_time")))
        .crossJoin(broadcast(arms))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("cap"), col("app"), col("win"))
        .agg(count(lit(1)).as("n_arrived"),
          sum(when(col("rn") <= col("cap"), 1L).otherwise(0L)).as("n_adm"))
      perWin.groupBy(col("cap"))
        .agg(sum(col("n_adm")).as("n_admitted"),
          sum(col("n_arrived") - col("n_adm")).as("n_rejected"),
          sum(when(col("n_arrived") > col("cap"), 1L).otherwise(0L))
            .as("n_saturated_windows"))
        .orderBy(col("cap"))
    }),

    "sync_key_shared" -> ((s, dir) => {
      // Key_Shared subscription distribution audit: Pulsar assigns each
      // ordering KEY to one consumer by key hash (hash ranges; modeled
      // with the repo's portable affine rehash mod 4) so per-key order
      // survives parallel consumption, and KEYLESS messages round-robin
      // (modeled by arrival id mod 4). Per consumer: message load,
      // distinct keys, the hottest key's count (head-of-line-blocking
      // risk — one slow key stalls everything sharing its consumer),
      // and the load share in exact milli
      val m = msgs(s, dir)
      val key = when(col("data").isNotNull &&
        col("data").rlike("\"k\": [0-9]+"),
        regexp_extract(col("data"), "\"k\": ([0-9]+)", 1))
      val h = (graft.plans.native.poly_hash(concat(lit("ks:"), col("key")))
        * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0)) %
        graft.plans.HashOps.M
      val keyed = m.withColumn("key", key)
        .withColumn("consumer", when(col("key").isNotNull, pmod(h, lit(4L)))
          .otherwise(pmod(col("msg_id"), lit(4L))))
      val perKey = keyed.filter(col("key").isNotNull)
        .groupBy(col("consumer"), col("key"))
        .agg(count(lit(1)).as("kn"))
        .groupBy(col("consumer")).agg(max(col("kn")).as("max_key_msgs"))
      val tot = keyed.agg(count(lit(1)).as("n_total"))
      keyed.groupBy(col("consumer"))
        .agg(count(lit(1)).as("n_msgs"),
          countDistinct(col("key")).as("n_keys"))
        .join(perKey, Seq("consumer"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("share_milli", expr("(n_msgs * 1000) div n_total"))
        .select(col("consumer"), col("n_msgs"), col("n_keys"),
          col("max_key_msgs"), col("share_milli"))
        .orderBy(col("consumer"))
    }),

    "sync_ack_ledger" -> ((s, dir) => {
      // the consumer ACK LEDGER behind the reference's ack-after-bulk
      // cycle (pulsar.rs acks each message only after its ES bulk
      // succeeds): Pulsar's subscription state is a mark-delete
      // position (the contiguous acked prefix) plus individually-acked
      // HOLES above it that the broker must retain. Plant every 20th
      // message unacked (a stuck bulk), seq = arrival rank per topic
      // (msg_id monotone); mark_delete = first unacked seq − 1 (or
      // n_msgs when fully acked), holes = acked messages stranded
      // above it. One rank window + one agg + a #topics-row broadcast
      val w = Window.partitionBy(col("topic")).orderBy(col("msg_id"))
      val base = msgs(s, dir)
        .withColumn("seq", row_number().over(w).cast("long"))
        .withColumn("acked",
          (pmod(col("msg_id"), lit(20L)) =!= 0L).cast("int"))
      val mark = base.groupBy(col("topic"))
        .agg(coalesce(min(when(col("acked") === 0, col("seq"))) - 1,
          count(lit(1))).as("mark_delete"))
      base.join(broadcast(mark), Seq("topic"))
        .groupBy(col("topic"), col("mark_delete"))
        .agg(count(lit(1)).as("n_msgs"),
          sum(when(col("acked") === 1 && col("seq") > col("mark_delete"),
            1L).otherwise(0L)).as("n_holes"))
        .select(col("topic"), col("n_msgs"), col("mark_delete"),
          col("n_holes"))
        .orderBy(col("topic"))
    }),

    "sync_rollover_stream" -> ((s, dir) => {
      // A31's generation assignment AT INGEST, across REAL
      // micro-batches: the per-topic cumulative-bytes counter carries
      // in flatMapGroupsWithState state (one long per topic — the
      // smallest state here), the in-order replay reproduces the batch
      // cumsum exactly, and the aggregated generations land on
      // sync_rollover's own oracle
      val batched = graft.streaming.StreamedBatch
        .chunked(msgs(s, dir), 5, col("msg_id"))
      graft.streaming.StreamedBatch
        .rolledGenerations(s, batched, nBatches = 5)
        .groupBy(col("topic"), col("gen"))
        .agg(count(lit(1)).as("n_msgs"), sum(col("bytes")).as("gen_bytes"))
        .withColumn("index_name",
          concat(col("topic"), lit("-g"), col("gen").cast("string")))
        .select(col("topic"), col("gen"), col("index_name"),
          col("n_msgs"), col("gen_bytes"))
        .orderBy(col("topic"), col("gen"))
    }),

    "sync_rollover_multibatch" -> ((s, dir) => {
      // the rollover counter under REDELIVERY (the multi-batch replay
      // family applied to cumulative state): every 17th message
      // arrives after the whole rest of the stream, so its bytes land
      // in a LATER generation than event order would give (cap 2 KiB here so
      // each topic spans ~10 generations and the movement is visible at
      // every SF). The result
      // is MESSAGE-granular over the planted subset — per-generation
      // aggregates would hide the reassignment (uniform payload sizes
      // keep the byte boundaries put) — with the live stream's
      // arrival-order gen next to the event-order gen
      import org.apache.spark.sql.expressions.Window
      val m = msgs(s, dir)
      val n = m.count() // bounded plan-time action (chunk sizing)
      val batched = graft.streaming.StreamedBatch.chunked(m
        .withColumn("arrival", col("msg_id") +
          when(pmod(col("msg_id"), lit(17)) === 0, lit(n)).otherwise(0L)),
        n, 5, col("arrival"), col("msg_id"))
      val wEvent = Window.partitionBy(col("topic")).orderBy(col("msg_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val eventGen = m
        .withColumn("bytes",
          coalesce(length(col("data")).cast("long"), lit(0L)))
        .withColumn("cum", sum(col("bytes")).over(wEvent))
        .select(col("msg_id"),
          expr("(greatest(cum, 1) - 1) div 2048").as("gen_event"))
      graft.streaming.StreamedBatch
        .rolledGenerations(s, batched, nBatches = 5, capBytes = 2048L)
        .filter(pmod(col("msg_id"), lit(17)) === 0)
        .join(eventGen, "msg_id")
        .select(col("msg_id"), col("topic"),
          col("gen").as("gen_arrival"), col("gen_event"),
          (col("gen") > col("gen_event")).as("moved"))
        .orderBy(col("msg_id"))
    }),

    "sync_expire_plan" -> ((s, dir) => {
      // the ILM DELETE-phase plan over the rollover generations
      // (Retention.expireGenerations' decision relation, made
      // oracle-visible): keep the newest 2 generations per topic,
      // mark the rest expired. max(gen) is a per-topic agg broadcast
      // back — never a global sort; at scale this reads the store
      // LISTING (index names), not the data, exactly like Retention.
      val gens = rolloverGens(msgs, s, dir)
      val floors = gens.groupBy(col("topic"))
        .agg((max(col("gen")) - 1).as("floor_gen"))
      gens.join(broadcast(floors), "topic")
        .withColumn("expired", col("gen") < col("floor_gen"))
        .select(col("topic"), col("gen"), col("index_name"),
          col("expired"))
        .orderBy(col("topic"), col("gen"))
    }),

    "sync_rewrite" -> ((s, dir) => {
      msgs(s, dir)
        .withColumn("topic_full", partitionedTopic)
        .groupBy(col("topic_full"),
          rewriteIndex(col("topic_full"), rewriteRules).as("target"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("topic_full"), col("target"))
    }),

    "sync_partition_topic" -> ((s, dir) => {
      msgs(s, dir)
        .select(partitionedTopic.as("topic_full"))
        .distinct()
        .withColumn("topic_base", collapsePartitionTopic(col("topic_full")))
        .orderBy(col("topic_full"))
    }),

    "sync_global_filter" -> ((s, dir) => {
      val dropped = matchesAny(col("data"), Seq("\"k\": 13\\}"))
      msgs(s, dir)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("total"),
          sum(when(dropped, 1L).otherwise(0L)).as("dropped"),
          sum(when(!dropped, 1L).otherwise(0L)).as("kept"))
        .orderBy(col("topic"))
    }),

    "sync_ns_filter" -> ((s, dir) => {
      SyncPipeline.namespaceFilter(SyncConfig(
        namespaceFilters = Map(
          "error" -> Seq("\"k\": 9[0-9]\\}"),
          "click" -> Seq("\"k\": [0-4]\\}"))))(msgs(s, dir))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("kept"))
        .orderBy(col("topic"))
    }),

    "sync_timestamp" -> ((s, dir) => {
      // every 5th message lacks the time key → falls back to publish_time
      val df = msgs(s, dir).withColumn("data",
        when(pmod(col("msg_id"), lit(5)) === 0, lit("{\"other\": 1}"))
          .otherwise(col("data")))
      df.withColumn("ts_resolved",
          resolveTimestamp(col("data"), Some("k"), col("publish_time")))
        .select(col("msg_id"), col("ts_resolved"))
        .orderBy(col("msg_id"))
    }),

    "sync_subscribe" -> ((s, dir) => {
      // config-driven topic subscription through the FULL pipeline (the
      // consumer's --topic-regex), over URI-shaped topic names
      val cfg = SyncConfig(topicRegex = Some("^(click|view|purchase)$"))
      val df = msgs(s, dir).withColumn("topic",
        concat(lit("persistent://tenant/app/"), col("topic")))
      SyncPipeline(cfg)(df)
        .groupBy(col("topic_base"))
        .agg(count(lit(1)).as("consumed"))
        .orderBy(col("topic_base"))
    }),

    "sync_inject_ns" -> ((s, dir) => {
      // --inject-key with a custom key name; --injected-namespaces flags
      // which messages the reference would tee to the debug logfile
      val cfg = SyncConfig(injectKey = true,
        injectedKeyName = "__trace_id__",
        injectedNamespaces = Seq("click", "error"))
      SyncPipeline(cfg)(msgs(s, dir))
        .select(col("msg_id"), col("data").as("injected"),
          col("injected_logged"))
        .orderBy(col("msg_id"))
    }),

    "sync_debug_topics" -> ((s, dir) => {
      // --debug-topics: raw messages of listed topics flagged for output
      val cfg = SyncConfig(debugTopics = Seq("error", "signup"))
      SyncPipeline.debugTopicFlag(cfg)(msgs(s, dir))
        .groupBy(col("topic"), col("is_debug_topic"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("topic"))
    }),

    "sync_timestamp_frac" -> ((s, dir) => {
      // sub-millisecond time_key fidelity (es.rs:51-58: the f64 ms value
      // keeps its fraction): t = <k>.<msg_id%1000 zero-padded> ms
      val frac = lpad(pmod(col("msg_id"), lit(1000)).cast("string"), 3, "0")
      val df = msgs(s, dir).withColumn("data",
        concat(lit("{\"t\": "), get_json_object(col("data"), "$.k"),
          lit("."), frac, lit("}")))
      df.withColumn("ts_resolved",
          resolveTimestamp(col("data"), Some("t"), col("publish_time")))
        .select(col("msg_id"), col("ts_resolved"))
        .orderBy(col("msg_id"))
    }),

    "sync_topic_regex" -> ((s, dir) => {
      // regex topic subscription (pulsar.rs:101-123) over URI-shaped
      // topic names: only matching topics are consumed
      val df = msgs(s, dir).withColumn("topic",
        concat(lit("persistent://tenant/app/"), col("topic")))
      df.filter(topicMatches(col("topic"), "^(click|purchase)"))
        .groupBy(topicPart(col("topic")).as("topic"))
        .agg(count(lit(1)).as("n_msgs"))
        .orderBy(col("topic"))
    }),

    "sync_jsonl_source" -> ((s, dir) => {
      // the raw-FILE ingestion face of the consumer (A18, otherwise
      // spec-only): the message stream serialized topic-per-directory
      // as JSON lines, re-read through JsonLines.read under the
      // pipeline's topic-regex subscription — directory→topic derivation, the
      // line's ts field→publish_time, raw-payload passthrough, all
      // under the driver oracle. The write is itself the plan the sink
      // side uses (partitionBy, one narrow projection); the temp store
      // is per-invocation
      val tmp = graft.streaming.StreamedBatch
        .twinTempDir("graft-jsonl-src") + "/store"
      msgs(s, dir)
        .select(col("topic"),
          concat(lit("{\"ts\": "), unix_millis(col("publish_time")),
            lit(", \"id\": "), col("msg_id"),
            lit(", \"k\": "),
            coalesce(get_json_object(col("data"), "$.k"), lit("null")),
            lit("}")).as("value"))
        .write.partitionBy("topic").text(tmp)
      // checkpoint the parsed read EAGERLY so the temp store can be
      // deleted before returning — repeated invocations (Bench runs
      // every query 2-3×) must not accumulate /tmp litter
      val out = graft.operators.Materialize(
        graft.sources.JsonLines.read(s, s"$tmp/*/part-*")
          .transform(SyncPipeline.subscribe(
            SyncConfig(topicRegex = Some("^topic=(click|purchase|signup)$"))))
          .select(col("topic"),
            get_json_object(col("data"), "$.id").cast("long").as("msg_id"),
            get_json_object(col("data"), "$.k").cast("long").as("k"),
            col("publish_time")))
      org.apache.hadoop.fs.FileSystem
        .get(new java.net.URI(tmp), s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(
          tmp.stripSuffix("/store")), true)
      out.orderBy(col("msg_id"))
    }),

    "sync_uri_topics" -> ((s, dir) => {
      // full URI-shaped partitioned topics through enrich: the index must
      // derive from the topic part only (util.rs:13-21), never embed the
      // tenant/namespace prefix
      val df = msgs(s, dir).withColumn("topic",
        concat(lit("persistent://tenant/app/"), col("topic"),
          lit("-partition-"), pmod(col("msg_id"), lit(3))))
      SyncPipeline.enrich(SyncConfig(rewriteRules = rewriteRules))(df)
        .groupBy(col("index").as("es_index"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("es_index"))
    }),

    "sync_bulk_failures" -> ((s, dir) => {
      // per-item bulk failure accounting (es.rs:133-191): poison docs
      // (k in 50..59 — the mapper-rejection stand-in) count as failed
      // per index, the rest as written
      val failed = matchesAny(col("data"), Seq("\"k\": 5[0-9]\\}"))
      msgs(s, dir)
        .withColumn("es_index", esIndex(col("topic"), col("publish_time")))
        .groupBy(col("es_index"))
        .agg(count(lit(1)).as("attempted"),
          sum(when(failed, 1L).otherwise(0L)).as("failed"),
          sum(when(!failed, 1L).otherwise(0L)).as("written"))
        .orderBy(col("es_index"))
    }),

    "sync_sanitize_keys" -> ((s, dir) => {
      msgs(s, dir)
        .withColumn("data",
          concat(lit("{\"user.name\": \"u"), col("msg_id"), lit("\"}")))
        .select(col("msg_id"), sanitizeKeysFlat(col("data")).as("sanitized"))
        .orderBy(col("msg_id"))
    }),

    "sync_app_group" -> ((s, dir) => {
      // purchase → string app; click → NUMERIC app (must fall back to
      // default, reference accepts only string-typed `app`); rest → no app
      val df = msgs(s, dir).withColumn("data",
        when(col("topic") === "purchase",
            concat(lit("{\"app\": \"shop\", \"k\": "),
              get_json_object(col("data"), "$.k"), lit("}")))
          .when(col("topic") === "click", lit("{\"app\": 7}"))
          .otherwise(col("data")))
      df.groupBy(appOf(col("data")).as("app"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("app"))
    }),

    "sync_debug_detect" -> ((s, dir) => {
      val df = msgs(s, dir).withColumn("data",
        concat(lit("{\"level\": \""),
          when(get_json_object(col("data"), "$.k").cast("long") < 20,
            lit("debug")).otherwise(lit("info")),
          lit("\", \"k\": "), get_json_object(col("data"), "$.k"), lit("}")))
      df.withColumn("is_debug",
          isDebugLog(col("data"), Seq("\"k\": 7[0-9]\\}")))
        .groupBy(col("topic"), col("is_debug"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("topic"), col("is_debug"))
    }),

    "sync_rate_limit" -> ((s, dir) => {
      val cfg = SyncConfig(
        rateLimits = Map("purchase" -> 2, "click" -> 1),
        rateLimitWindow = "hour")
      SyncPipeline.rateLimit(cfg)(
          msgs(s, dir).withColumn("app", col("topic")))
        .select(col("msg_id"), col("app"))
        .orderBy(col("msg_id"))
    }),

    "sync_rate_limit_stream" -> ((s, dir) => {
      // A29's stateful cross-batch limiter promoted to an oracle row:
      // the REAL streaming operator (file source → state → memory sink)
      // consumes the message stream in one micro-batch and must admit
      // the exact message set of the batch window — same DuckDB SQL as
      // sync_rate_limit anchors both
      val cfg = SyncConfig(
        rateLimits = Map("purchase" -> 2, "click" -> 1),
        rateLimitWindow = "hour")
      graft.streaming.StreamedBatch.rateLimited(s,
          msgs(s, dir).withColumn("app", col("topic")), cfg)
        .orderBy(col("msg_id"))
    }),

    "sync_dedup_stream" -> ((s, dir) => {
      // A19's redelivery dedup promoted to an oracle row: every 17th
      // message is DUPLICATED — one copy redelivered 3 positions later
      // (same micro-batch or the next: state-hit drop) and one after
      // the whole stream (beyond the horizon: late-filter drop) — the
      // planted stream replays as 5 one-file micro-batches through the
      // REAL watermarked dropDuplicates, and the emitted relation must
      // equal the DISTINCT message set: exactly-once holds for ANY
      // redelivery delay, because a duplicate either hits retained
      // state or arrives below the watermark that evicted it
      val m = msgs(s, dir)
      val n = m.count() // bounded plan-time action (chunk sizing)
      val isDup = pmod(col("msg_id"), lit(17)) === 0
      val planted = m.withColumn("arrival", col("msg_id"))
        .unionByName(m.filter(isDup)
          .withColumn("arrival", col("msg_id") + lit(3L)))
        .unionByName(m.filter(isDup)
          .withColumn("arrival", col("msg_id") + lit(2 * n)))
      val total = n + 2 * ((n + 16) / 17)
      val batched = graft.streaming.StreamedBatch
        .chunked(planted, total, 5, col("arrival"), col("msg_id"))
      graft.streaming.StreamedBatch
        .dedupedMessages(s, batched, nBatches = 5, horizon = "1 hour")
        .select(col("msg_id"), col("topic"), col("publish_time"))
        .orderBy(col("msg_id"))
    }),

    "sync_rate_limit_multibatch" -> ((s, dir) => {
      // A29's counters proven to hold ACROSS micro-batches under the
      // oracle (the single-batch twin resets nothing; this one must
      // not): every 17th message is redelivered after the whole rest of
      // the stream (worst-case broker replay), 5 one-file micro-batches
      // in arrival order — a redelivered message is admitted only if
      // its EVENT-time window still has budget when it finally arrives;
      // the oracle admits first-limit per (app, hour) in
      // (batch, publish_time, msg_id) order
      val cfg = SyncConfig(
        rateLimits = Map("purchase" -> 2, "click" -> 1),
        rateLimitWindow = "hour")
      val m = msgs(s, dir).withColumn("app", col("topic"))
      val n = m.count() // bounded plan-time action (chunk sizing)
      val batched = graft.streaming.StreamedBatch.chunked(m
        .withColumn("arrival", col("msg_id") +
          when(pmod(col("msg_id"), lit(17)) === 0, lit(n)).otherwise(0L)),
        n, 5, col("arrival"), col("msg_id"))
      graft.streaming.StreamedBatch
        .rateLimitedMulti(s, batched, nBatches = 5, cfg)
        .select(col("msg_id"), col("app"))
        .orderBy(col("msg_id"))
    }),

    "sync_bulk_batch" -> ((s, dir) => {
      val cfg = SyncConfig(bufferSize = 50)
      SyncPipeline.bulkBatches(cfg)(msgs(s, dir)
          .withColumn("index", esIndex(col("topic"), col("publish_time"))))
        .groupBy(col("index").as("es_index"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("es_index"), col("batch_id"))
    }),

    "sync_field_count" -> ((s, dir) => {
      val df = msgs(s, dir).withColumn("data",
        when(col("topic") === "purchase",
            concat(lit("{\"k\": "), get_json_object(col("data"), "$.k"),
              lit(", \"user\": "), col("msg_id"), lit("}")))
          .otherwise(col("data")))
      df.withColumn("fc", fieldCount(col("data")))
        .groupBy(col("topic"))
        .agg(round(sum(col("fc")).cast("double") / count(lit(1)), 6)
          .as("avg_fields"), count(lit(1)).as("n"))
        .orderBy(col("topic"))
    }),

    "sync_inject" -> ((s, dir) => {
      // every 7th message is the empty object: the injected key must not
      // leave a dangling comma
      val df = msgs(s, dir).withColumn("data",
        when(pmod(col("msg_id"), lit(7)) === 0, lit("{}"))
          .otherwise(col("data")))
      df.select(col("msg_id"),
          injectKey(col("data"), col("msg_id"), deterministic = true)
            .as("injected"))
        .orderBy(col("msg_id"))
    }),

    "sync_document" -> ((s, dir) => {
      // every 9th message is the empty object: no comma after @timestamp
      val df = msgs(s, dir).withColumn("data",
        when(pmod(col("msg_id"), lit(9)) === 0, lit("{}"))
          .otherwise(col("data")))
      df.select(col("msg_id"),
          buildDocument(col("data"), col("publish_time")).as("doc"))
        .orderBy(col("msg_id"))
    }),

    "sync_metrics" -> ((s, dir) => {
      msgs(s, dir)
        .withColumn("date_str", dateStr(col("publish_time")))
        .withColumn("is_debug",
          matchesAny(col("data"), Seq("\"k\": 4[0-9]\\}")))
        .groupBy(col("topic"), col("date_str"))
        .agg(count(lit(1)).as("consumed"),
          sum(when(col("is_debug"), 1L).otherwise(0L)).as("debug_consumed"))
        .orderBy(col("topic"), col("date_str"))
    }),

    "sync_metrics_scrape" -> ((s, dir) => {
      // the /metrics ENDPOINT under the oracle (promotes A25 from
      // spec-only): a deterministic bulk-accounting
      // relation (the A9 app plant ⊕ the A20 poison classification)
      // populates the REAL counter registry through recordBulk, the
      // REAL JDK HttpServer serves /metrics on an ephemeral port, and
      // the row is the scraped text body parsed back into (key, value)
      // rows — prometheus key grammar (sorted labels, name{app=..,
      // index=..}) and counter values both checked against DuckDB
      // recomputing the same accounting from the events table. The
      // registry is reset first: it is driver-global ops state and
      // earlier streaming rows legitimately write to it.
      val df = msgs(s, dir).withColumn("data",
        when(col("topic") === "purchase",
            concat(lit("{\"app\": \"shop\", \"k\": "),
              get_json_object(col("data"), "$.k"), lit("}")))
          .when(col("topic") === "click",
            concat(lit("{\"app\": 7, \"k\": "),
              get_json_object(col("data"), "$.k"), lit("}")))
          .otherwise(col("data")))
      val failed = matchesAny(col("data"), Seq("\"k\": 5[0-9]\\}"))
      val bulk = df
        .withColumn("index", esIndex(col("topic"), col("publish_time")))
        .withColumn("app", appOf(col("data")))
        .groupBy(col("index"), col("app"))
        .agg(sum(when(!failed, 1L).otherwise(0L)).as("written"),
          sum(when(failed, 1L).otherwise(0L)).as("failed"))
      graft.streaming.SyncMetrics.reset()
      graft.streaming.SyncMetrics.recordBulk(bulk)
      val server = graft.streaming.MetricsHttp.start(0)
      val body = try {
        val port = server.getAddress.getPort
        val in = new java.net.URI(s"http://127.0.0.1:$port/metrics")
          .toURL.openStream()
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } finally server.stop(0)
      val rows = body.split("\n").toSeq
        .filter(_.startsWith("graft_es_write_"))
        .map { line =>
          val i = line.lastIndexOf(' ')
          (line.substring(0, i), line.substring(i + 1).toLong)
        }
      val ss = s
      import ss.implicits._
      rows.toDF("metric_key", "value").orderBy(col("metric_key"))
    }),

    "sync_watchdog" -> ((s, dir) => {
      // the topic watchdog under the oracle (promotes A24 from
      // spec-only, the A48 pattern: REAL component in the
      // loop, deterministic relation out): the first six days' "hot"
      // topic sets (count strictly above the uniform day share — a set
      // that provably changes day to day at every SF) drive a replay
      // where each day's set is materialized as topic DIRECTORIES
      // under a temp root, the real TopicWatchdog ticks against it,
      // and on every membership change it stops the live consumer and
      // starts a REAL file-stream query over the new concrete topic
      // glob (pulsar.rs:193-221's consumer recreation). The row is the
      // resubscription ledger — (day, topics, n_topics, resubscribed,
      // generation) — recomputed relationally by DuckDB from the same
      // daily counts.
      val daily = msgs(s, dir)
        .filter(col("publish_time") < lit("2024-01-07").cast("timestamp"))
        .groupBy(date_format(col("publish_time"), "yyyy-MM-dd").as("day"),
          col("topic"))
        .agg(count(lit(1)).as("n"))
      val wDay = Window.partitionBy(col("day"))
      // model-state: ≤ 6 days × 5 topics
      val hot = daily.withColumn("day_n", sum(col("n")).over(wDay))
        .filter(col("n") * 5 > col("day_n"))
        .groupBy(col("day"))
        .agg(sort_array(collect_list(col("topic"))).as("topics"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val days = daily.select(col("day")).distinct().orderBy(col("day"))
        .collect().map(_.getString(0))
      // scratch (incl. six per-generation checkpoints) on the twin
      // scratch base — tmpfs when available
      val base = new java.io.File(
        graft.streaming.StreamedBatch.twinTempDir("graft_watchdog_"))
      val root = new java.io.File(base, "topics")
      root.mkdirs()
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
        f.delete(); ()
      }
      var gen = 0
      val wd = new graft.streaming.TopicWatchdog(s, root.getAbsolutePath,
        "[a-z]+", { topics =>
          gen += 1
          graft.streaming.StreamedBatch.noteReplay()
          s.readStream
            .text(root.getAbsolutePath + "/{" +
              topics.toSeq.sorted.mkString(",") + "}")
            .writeStream.format("noop")
            .option("checkpointLocation",
              new java.io.File(base, s"ckpt_$gen").getAbsolutePath)
            .trigger(org.apache.spark.sql.streaming.Trigger
              .ProcessingTime("1 hour"))
            .start()
        })
      val ledger = try {
        days.map { day =>
          val want = hot.getOrElse(day, Seq.empty).toSet
          Option(root.listFiles()).foreach(_.filter(_.isDirectory)
            .filterNot(f => want(f.getName)).foreach(rmrf))
          want.foreach { t =>
            val d = new java.io.File(root, t)
            d.mkdirs()
            val f = new java.io.File(d, "part-0.txt")
            if (!f.exists())
              java.nio.file.Files.write(f.toPath, t.getBytes("UTF-8"))
            ()
          }
          val resub = wd.tick()
          (day, want.toSeq.sorted.mkString(","), want.size.toLong, resub,
            wd.generation.toLong)
        }.toSeq
      } finally { wd.stop(); rmrf(base) }
      val ss = s
      import ss.implicits._
      ledger.toDF("day", "topics", "n_topics", "resubscribed", "generation")
        .orderBy(col("day"))
    }),

    "sync_schema_drift" -> ((s, dir) => {
      // ES mapping-drift monitor (the ops readout behind es.rs's
      // field_count metric — a new JSON key in a log stream means a
      // mapping update on the next bulk write): per (topic, day), how
      // many distinct key-SETS (schema variants) arrived and how many
      // keys appeared for the FIRST time on that topic. Drift planted:
      // every 7th message carries a day-named field, so each day
      // introduces one genuinely new key per topic. Two map-side-
      // combined aggs on (topic, day|key); no window, no self-join.
      val df = msgs(s, dir).withColumn("data",
        when(pmod(col("msg_id"), lit(7)) === 0,
          concat(lit("{\"k\": 1, \"f"),
            dayofmonth(col("publish_time")).cast("string"), lit("\": 1}")))
          .otherwise(col("data")))
      val keyed = df
        .select(col("topic"), dateStr(col("publish_time")).as("date_str"),
          array_sort(json_object_keys(col("data"))).as("keys"))
        .filter(col("keys").isNotNull)
      val variants = keyed.groupBy(col("topic"), col("date_str"))
        .agg(count(lit(1)).as("n_msgs"),
          countDistinct(array_join(col("keys"), ",")).as("n_variants"))
      val dayKeys = keyed
        .select(col("topic"), col("date_str"),
          explode(col("keys")).as("key"))
        .distinct()
      val firstDay = dayKeys.groupBy(col("topic"), col("key"))
        .agg(min(col("date_str")).as("first_day"))
      val newKeys = dayKeys.join(firstDay, Seq("topic", "key"))
        .filter(col("date_str") === col("first_day"))
        .groupBy(col("topic"), col("date_str"))
        .agg(count(lit(1)).as("n_new_keys"))
      variants.join(newKeys, Seq("topic", "date_str"), "left")
        .withColumn("n_new_keys", coalesce(col("n_new_keys"), lit(0L)))
        .orderBy(col("topic"), col("date_str"))
    }),

    "sync_dlq" -> ((s, dir) => {
      // dead-letter routing for the two failure classes the reference
      // only COUNTS (parse drops es.rs:124-127, bulk item failures
      // es.rs:133-191): planted non-JSON (msg_id % 23 = 0) lands in the
      // parse DLQ on its single attempt; poison docs (k in 50..59, the
      // mapper-rejection stand-in of sync_bulk_failures) burn
      // maxRetries = 3 attempts then land in the mapper DLQ; the rest
      // write cleanly. One narrow projection — no shuffle at all.
      val df = msgs(s, dir).withColumn("data",
        when(pmod(col("msg_id"), lit(23)) === 0,
          concat(lit("not-json:"), col("msg_id").cast("string")))
          .otherwise(col("data")))
      df.select(col("msg_id"), col("topic"),
          when(pmod(col("msg_id"), lit(23)) === 0, lit("parse"))
            .when(matchesAny(col("data"), Seq("\"k\": 5[0-9]\\}")),
              lit("mapper"))
            .otherwise(lit("ok")).as("outcome"))
        .withColumn("attempts",
          when(col("outcome") === "mapper", lit(3L)).otherwise(lit(1L)))
        .withColumn("dlq_index",
          when(col("outcome") === "ok", lit(null).cast("string"))
            .otherwise(concat(col("topic"), lit("-dlq"))))
        .orderBy(col("msg_id"))
    }),

    "sync_backlog_eta" -> ((s, dir) => {
      // per-app drain ETA under the rate limits (ratelimiter.rs +
      // es.rs:360-373 as capacity planning): backlog n per app, limit
      // per hour from the demo config, eta_hours = ceil(n / limit) in
      // integer arithmetic (unlimited apps flush in the current hour —
      // eta 0). One map-side-combined agg; the limit map is a literal.
      val limit = when(col("app") === "purchase", lit(2L))
        .when(col("app") === "click", lit(1L))
        .otherwise(lit(0L)) // 0 = unlimited
      msgs(s, dir).select(col("topic").as("app"))
        .groupBy(col("app")).agg(count(lit(1)).as("backlog"))
        .withColumn("rate_limit", limit)
        .withColumn("eta_hours",
          when(col("rate_limit") === 0L, lit(0L))
            .otherwise(expr("(backlog + rate_limit - 1) div rate_limit")))
        .orderBy(col("app"))
    }),

    "compaction_plan" -> ((s, dir) => {
      // small-file compaction planning for the indexed sink (A30's
      // Compaction.compact, made oracle-visible as a PLAN relation):
      // each (es_index, hour) chunk is one file with its byte size; in
      // per-index hour order, files pack into compaction groups by
      // cumulative size div 16 KiB — the rolloverGens cumsum-bin
      // topology one level down, window PARTITIONED by index (parallel,
      // no global sort).
      val w = Window.partitionBy(col("es_index")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      msgs(s, dir)
        .withColumn("es_index", esIndex(col("topic"), col("publish_time")))
        .withColumn("hr", hour(col("publish_time")).cast("long"))
        .groupBy(col("es_index"), col("hr"))
        .agg(count(lit(1)).as("n_msgs"),
          sum(coalesce(length(col("data")).cast("long"), lit(0L)))
            .as("bytes"))
        .withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("compact_group",
          expr("(greatest(cum, 1) - 1) div 16384"))
        .select(col("es_index"), col("hr"), col("n_msgs"), col("bytes"),
          col("compact_group"))
        .orderBy(col("es_index"), col("hr"))
    }),
  )

  /** sync_rollover's SQL — shared verbatim by the streamed twin (the
    * stateful counter must reproduce the batch cumsum exactly). */
  private val rolloverOracleSql: String =
    """WITH m AS (
      |  SELECT event_id AS msg_id, event_type AS topic, props AS data
      |  FROM events
      |), c AS (
      |  SELECT topic, msg_id, COALESCE(len(data), 0) AS bytes,
      |    SUM(COALESCE(len(data), 0)) OVER (PARTITION BY topic
      |      ORDER BY msg_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM m
      |)
      |SELECT topic, CAST((greatest(cum, 1) - 1) // 16384 AS BIGINT) AS gen,
      |  topic || '-g' ||
      |    CAST(CAST((greatest(cum, 1) - 1) // 16384 AS BIGINT) AS VARCHAR)
      |      AS index_name,
      |  count(*) AS n_msgs, CAST(SUM(bytes) AS BIGINT) AS gen_bytes
      |FROM c GROUP BY 1, 2, 3 ORDER BY topic, gen""".stripMargin

  /** The portable poly hash in DuckDB (CBlock's `ph`, local copy). */
  private def phA(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), ch -> CAST(unicode(ch) AS BIGINT))), " +
      s"(acc, cd) -> (acc * 31 + cd) % 2147483647)"

  /** sync_ack_ledger's SQL — shared verbatim by the streamed twin
    * (interval-set union must reproduce the batch ledger exactly). */
  private val ackLedgerOracleSql: String =
    """WITH m AS (
        |  SELECT event_id AS msg_id, event_type AS topic FROM events
        |), sq AS (
        |  SELECT topic, msg_id,
        |    row_number() OVER (PARTITION BY topic ORDER BY msg_id) AS seq,
        |    CASE WHEN msg_id % 20 <> 0 THEN 1 ELSE 0 END AS acked
        |  FROM m
        |), mk AS (
        |  SELECT topic,
        |    COALESCE(CAST(min(CASE WHEN acked = 0 THEN seq END) AS BIGINT) - 1,
        |      count(*)) AS mark_delete
        |  FROM sq GROUP BY 1
        |)
        |SELECT s.topic, count(*) AS n_msgs,
        |  CAST(mk.mark_delete AS BIGINT) AS mark_delete,
        |  CAST(SUM(CASE WHEN s.acked = 1 AND s.seq > mk.mark_delete
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_holes
        |FROM sq s JOIN mk ON s.topic = mk.topic
        |GROUP BY 1, mk.mark_delete ORDER BY s.topic""".stripMargin

  val oracle: Map[String, String] = Map(
    "sync_rate_limit_sweep" ->
      """WITH arms AS (
        |  SELECT CAST(unnest([1, 2, 5]) AS BIGINT) AS cap
        |), r AS (
        |  SELECT a.cap, e.event_type AS app,
        |    date_trunc('hour', e.ts) AS win,
        |    row_number() OVER (PARTITION BY a.cap, e.event_type,
        |      date_trunc('hour', e.ts) ORDER BY e.ts, e.event_id) AS rn
        |  FROM events e, arms a
        |), pw AS (
        |  SELECT cap, app, win, count(*) AS n_arrived,
        |    CAST(SUM(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_adm
        |  FROM r GROUP BY 1, 2, 3
        |)
        |SELECT cap, CAST(sum(n_adm) AS BIGINT) AS n_admitted,
        |  CAST(sum(n_arrived - n_adm) AS BIGINT) AS n_rejected,
        |  CAST(SUM(CASE WHEN n_arrived > cap THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_saturated_windows
        |FROM pw GROUP BY 1 ORDER BY cap""".stripMargin,

    "sync_key_shared" ->
      s"""WITH m AS (
         |  SELECT event_id AS msg_id, props AS data FROM events
         |), k AS (
         |  SELECT msg_id,
         |    CASE WHEN data IS NOT NULL AND regexp_matches(data, '"k": [0-9]+')
         |      THEN regexp_extract(data, '"k": ([0-9]+)', 1) END AS key
         |  FROM m
         |), c AS (
         |  SELECT msg_id, key,
         |    CASE WHEN key IS NOT NULL
         |      THEN (${phA("'ks:' || key")}
         |        * ((1 * 2654435761) % 2147483647)
         |        + (1 * 40503) % 2147483647) % 2147483647 % 4
         |      ELSE msg_id % 4 END AS consumer
         |  FROM k
         |), pk AS (
         |  SELECT consumer, key, count(*) AS kn FROM c
         |  WHERE key IS NOT NULL GROUP BY 1, 2
         |), mx AS (
         |  SELECT consumer, CAST(max(kn) AS BIGINT) AS max_key_msgs
         |  FROM pk GROUP BY 1
         |), t AS (SELECT count(*) AS n_total FROM c)
         |SELECT c.consumer, count(*) AS n_msgs,
         |  CAST(count(DISTINCT c.key) AS BIGINT) AS n_keys,
         |  min(mx.max_key_msgs) AS max_key_msgs,
         |  CAST((count(*) * 1000) // min(t.n_total) AS BIGINT) AS share_milli
         |FROM c LEFT JOIN mx ON c.consumer = mx.consumer, t
         |GROUP BY c.consumer ORDER BY c.consumer""".stripMargin,

    "sync_ack_ledger" -> ackLedgerOracleSql,

    // IDENTICAL SQL to sync_ack_ledger — the interval-compressed
    // streamed ledger must equal the batch ledger row for row
    "sync_ack_ledger_stream" -> ackLedgerOracleSql,

    "sync_rollover" -> rolloverOracleSql,
    "sync_rollover_stream" -> rolloverOracleSql,

    // the cumsum in (batch, msg_id) ARRIVAL order under the
    // every-17th-redelivered plant, message-granular over the planted
    // subset, next to the event-order assignment
    "sync_rollover_multibatch" ->
      """WITH nn AS (SELECT count(*) AS n FROM events),
        |ar AS (
        |  SELECT event_id, event_type, props,
        |    event_id + CASE WHEN event_id % 17 = 0
        |      THEN nn.n ELSE 0 END AS arrival
        |  FROM events, nn
        |), rk AS (
        |  SELECT event_id, event_type, props,
        |    row_number() OVER (ORDER BY arrival, event_id) - 1 AS rk
        |  FROM ar
        |), bt AS (
        |  SELECT event_id AS msg_id, event_type AS topic, props AS data,
        |    rk // greatest((nn.n + 4) // 5, 1) AS batch
        |  FROM rk, nn
        |), c AS (
        |  SELECT msg_id, topic,
        |    SUM(COALESCE(len(data), 0)) OVER (PARTITION BY topic
        |      ORDER BY batch, msg_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM bt
        |), e AS (
        |  SELECT event_id AS msg_id,
        |    SUM(COALESCE(len(props), 0)) OVER (PARTITION BY event_type
        |      ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS cume
        |  FROM events
        |)
        |SELECT c.msg_id, c.topic,
        |  CAST((greatest(c.cum, 1) - 1) // 2048 AS BIGINT) AS gen_arrival,
        |  CAST((greatest(e.cume, 1) - 1) // 2048 AS BIGINT) AS gen_event,
        |  (greatest(c.cum, 1) - 1) // 2048
        |    > (greatest(e.cume, 1) - 1) // 2048 AS moved
        |FROM c JOIN e ON c.msg_id = e.msg_id
        |WHERE c.msg_id % 17 = 0
        |ORDER BY c.msg_id""".stripMargin,

    "sync_expire_plan" ->
      """WITH m AS (
        |  SELECT event_id AS msg_id, event_type AS topic, props AS data
        |  FROM events
        |), c AS (
        |  SELECT topic, msg_id,
        |    SUM(COALESCE(len(data), 0)) OVER (PARTITION BY topic
        |      ORDER BY msg_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m
        |), g AS (
        |  SELECT topic, CAST((greatest(cum, 1) - 1) // 16384 AS BIGINT) AS gen
        |  FROM c GROUP BY 1, 2
        |), f AS (
        |  SELECT topic, max(gen) - 1 AS floor_gen FROM g GROUP BY 1
        |)
        |SELECT g.topic, g.gen,
        |  g.topic || '-g' || CAST(g.gen AS VARCHAR) AS index_name,
        |  g.gen < f.floor_gen AS expired
        |FROM g JOIN f ON g.topic = f.topic
        |ORDER BY g.topic, g.gen""".stripMargin,

    "sync_rewrite" ->
      """WITH t AS (
        |  SELECT event_type || '-partition-' || (event_id % 3) AS topic_full FROM events
        |), c AS (
        |  SELECT topic_full,
        |    CASE WHEN regexp_extract(topic_full, '^(.*)-partition-[0-9]+', 1) <> ''
        |         THEN regexp_extract(topic_full, '^(.*)-partition-[0-9]+', 1)
        |         ELSE topic_full END AS base
        |  FROM t
        |)
        |SELECT topic_full,
        |  CASE WHEN regexp_matches(base, '^click') THEN 'web'
        |       WHEN regexp_matches(base, '^view') THEN 'web'
        |       WHEN regexp_matches(base, '^purchase') THEN 'commerce'
        |       ELSE base END AS target,
        |  count(*) AS n
        |FROM c GROUP BY 1, 2 ORDER BY topic_full, target""".stripMargin,

    "sync_partition_topic" ->
      """WITH t AS (
        |  SELECT DISTINCT event_type || '-partition-' || (event_id % 3) AS topic_full FROM events
        |)
        |SELECT topic_full,
        |  CASE WHEN regexp_extract(topic_full, '^(.*)-partition-[0-9]+', 1) <> ''
        |       THEN regexp_extract(topic_full, '^(.*)-partition-[0-9]+', 1)
        |       ELSE topic_full END AS topic_base
        |FROM t ORDER BY topic_full""".stripMargin,

    "sync_global_filter" ->
      """SELECT event_type AS topic, count(*) AS total,
        |  CAST(SUM(CASE WHEN regexp_matches(props, '"k": 13\}') THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
        |  CAST(SUM(CASE WHEN regexp_matches(props, '"k": 13\}') THEN 0 ELSE 1 END) AS BIGINT) AS kept
        |FROM events GROUP BY 1 ORDER BY topic""".stripMargin,

    "sync_ns_filter" ->
      """SELECT event_type AS topic, count(*) AS kept
        |FROM events
        |WHERE NOT (event_type = 'error' AND regexp_matches(props, '"k": 9[0-9]\}'))
        |  AND NOT (event_type = 'click' AND regexp_matches(props, '"k": [0-4]\}'))
        |GROUP BY 1 ORDER BY topic""".stripMargin,

    "sync_timestamp" ->
      """SELECT event_id AS msg_id,
        |  CASE WHEN event_id % 5 = 0 THEN ts
        |       ELSE make_timestamp(CAST(json_extract(props, '$.k') AS BIGINT) * 1000)
        |  END AS ts_resolved
        |FROM events ORDER BY msg_id""".stripMargin,

    "sync_sanitize_keys" ->
      """SELECT event_id AS msg_id,
        |  '{"user_name":"u' || event_id || '"}' AS sanitized
        |FROM events ORDER BY msg_id""".stripMargin,

    "sync_app_group" ->
      """WITH d AS (
        |  SELECT CASE WHEN event_type = 'purchase'
        |              THEN '{"app": "shop", "k": ' || json_extract(props, '$.k') || '}'
        |              WHEN event_type = 'click' THEN '{"app": 7}'
        |              ELSE props END AS data
        |  FROM events
        |)
        |SELECT CASE WHEN regexp_extract(data, '"app"\s*:\s*"([^"]*)"', 1) <> ''
        |            THEN regexp_extract(data, '"app"\s*:\s*"([^"]*)"', 1)
        |            ELSE '__DEFAULT_APP__' END AS app,
        |       count(*) AS n
        |FROM d GROUP BY 1 ORDER BY app""".stripMargin,

    "sync_debug_detect" ->
      """WITH d AS (
        |  SELECT event_type AS topic,
        |    '{"level": "' ||
        |      (CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) < 20
        |            THEN 'debug' ELSE 'info' END) ||
        |      '", "k": ' || json_extract(props, '$.k') || '}' AS data
        |  FROM events
        |)
        |SELECT topic,
        |  (COALESCE(json_extract_string(data, '$.level') = 'debug', FALSE)
        |     OR regexp_matches(data, '"k": 7[0-9]\}')) AS is_debug,
        |  count(*) AS n
        |FROM d GROUP BY 1, 2 ORDER BY topic, is_debug""".stripMargin,

    "sync_rate_limit" ->
      """SELECT event_id AS msg_id, event_type AS app
        |FROM events
        |QUALIFY row_number() OVER (
        |    PARTITION BY event_type, date_trunc('hour', ts)
        |    ORDER BY ts, event_id)
        |  <= CASE event_type WHEN 'purchase' THEN 2 WHEN 'click' THEN 1
        |          ELSE 2147483647 END
        |ORDER BY msg_id""".stripMargin,

    // exactly-once under planted duplicate redelivery: the emitted
    // relation is the DISTINCT message set — duplicates either hit
    // retained state or fall below the watermark that evicted it
    "sync_dedup_stream" ->
      """SELECT event_id AS msg_id, event_type AS topic, ts AS publish_time
        |FROM events ORDER BY msg_id""".stripMargin,

    // the cross-batch admission relation: first-limit per (app, hour)
    // in (batch, publish_time, msg_id) order under the after-everything
    // redelivery plant
    "sync_rate_limit_multibatch" ->
      """WITH nn AS (SELECT count(*) AS n FROM events),
        |ar AS (
        |  SELECT e.event_id, e.event_type, e.ts,
        |    e.event_id + CASE WHEN e.event_id % 17 = 0
        |      THEN nn.n ELSE 0 END AS arrival
        |  FROM events e, nn
        |), rk AS (
        |  SELECT event_id, event_type, ts,
        |    row_number() OVER (ORDER BY arrival, event_id) - 1 AS rk
        |  FROM ar
        |), bt AS (
        |  SELECT event_id, event_type, ts,
        |    rk // greatest((nn.n + 4) // 5, 1) AS batch
        |  FROM rk, nn
        |)
        |SELECT event_id AS msg_id, event_type AS app
        |FROM bt
        |QUALIFY row_number() OVER (
        |    PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
        |    ORDER BY batch, ts, event_id)
        |  <= CASE event_type WHEN 'purchase' THEN 2 WHEN 'click' THEN 1
        |          ELSE 2147483647 END
        |ORDER BY msg_id""".stripMargin,

    // IDENTICAL SQL to sync_rate_limit — the streaming limiter must
    // admit the batch window's exact message set
    "sync_rate_limit_stream" ->
      """SELECT event_id AS msg_id, event_type AS app
        |FROM events
        |QUALIFY row_number() OVER (
        |    PARTITION BY event_type, date_trunc('hour', ts)
        |    ORDER BY ts, event_id)
        |  <= CASE event_type WHEN 'purchase' THEN 2 WHEN 'click' THEN 1
        |          ELSE 2147483647 END
        |ORDER BY msg_id""".stripMargin,

    "sync_bulk_batch" ->
      """WITH d AS (
        |  SELECT event_type || '-' || strftime(ts, '%Y.%m.%d') AS es_index,
        |         ts, event_id FROM events
        |), b AS (
        |  SELECT es_index,
        |    CAST(floor((row_number() OVER (PARTITION BY es_index ORDER BY ts, event_id) - 1) / 50) AS BIGINT) AS batch_id
        |  FROM d
        |)
        |SELECT es_index, batch_id, count(*) AS n_docs
        |FROM b GROUP BY 1, 2 ORDER BY es_index, batch_id""".stripMargin,

    "sync_field_count" ->
      """WITH d AS (
        |  SELECT event_type AS topic,
        |    CASE WHEN event_type = 'purchase'
        |         THEN '{"k": ' || json_extract(props, '$.k') || ', "user": ' || event_id || '}'
        |         ELSE props END AS data
        |  FROM events
        |)
        |SELECT topic,
        |  ROUND(CAST(SUM(len(json_keys(data))) AS DOUBLE) / count(*), 6) AS avg_fields,
        |  count(*) AS n
        |FROM d GROUP BY 1 ORDER BY topic""".stripMargin,

    "sync_inject" ->
      """WITH d AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN '{}' ELSE props END AS data
        |  FROM events
        |), s AS (
        |  SELECT event_id, regexp_replace(data, '\}\s*$', '') AS stripped FROM d
        |)
        |SELECT event_id AS msg_id,
        |  stripped ||
        |  (CASE WHEN regexp_matches(stripped, '^\s*\{\s*$') THEN '' ELSE ', ' END) ||
        |  '"__INJECTED_DATA__": "msg-' || event_id || '"}' AS injected
        |FROM s ORDER BY msg_id""".stripMargin,

    "sync_document" ->
      """WITH d AS (
        |  SELECT event_id, ts,
        |    regexp_replace(CASE WHEN event_id % 9 = 0 THEN '{}' ELSE props END,
        |      '^\{\s*', '') AS rest
        |  FROM events
        |)
        |SELECT event_id AS msg_id,
        |  '{"@timestamp": "' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || '"'
        |    || (CASE WHEN regexp_matches(rest, '^\s*\}\s*$') THEN '' ELSE ', ' END)
        |    || rest AS doc
        |FROM d ORDER BY msg_id""".stripMargin,

    "sync_subscribe" ->
      """SELECT event_type AS topic_base, count(*) AS consumed
        |FROM events
        |WHERE regexp_matches(event_type, '^(click|view|purchase)$')
        |  AND props IS NOT NULL AND props <> ''
        |  AND json_valid(props) AND regexp_matches(props, '^\s*\{')
        |GROUP BY 1 ORDER BY topic_base""".stripMargin,

    "sync_inject_ns" ->
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    regexp_replace(props, '\}\s*$', '') AS stripped
        |  FROM events
        |  WHERE props IS NOT NULL AND props <> ''
        |    AND json_valid(props) AND regexp_matches(props, '^\s*\{')
        |)
        |SELECT event_id AS msg_id,
        |  stripped ||
        |  (CASE WHEN regexp_matches(stripped, '^\s*\{\s*$') THEN '' ELSE ', ' END) ||
        |  '"__trace_id__": "msg-' || event_id || '"}' AS injected,
        |  event_type IN ('click', 'error') AS injected_logged
        |FROM s ORDER BY msg_id""".stripMargin,

    "sync_debug_topics" ->
      """SELECT event_type AS topic,
        |  event_type IN ('error', 'signup') AS is_debug_topic,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY topic""".stripMargin,

    "sync_timestamp_frac" ->
      """SELECT event_id AS msg_id,
        |  make_timestamp(CAST(floor(
        |    CAST(json_extract(props, '$.k') || '.' ||
        |         lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') AS DOUBLE)
        |    * 1000) AS BIGINT)) AS ts_resolved
        |FROM events ORDER BY msg_id""".stripMargin,

    "sync_topic_regex" ->
      """SELECT event_type AS topic, count(*) AS n_msgs
        |FROM events
        |WHERE regexp_matches(event_type, '^(click|purchase)')
        |GROUP BY 1 ORDER BY topic""".stripMargin,

    "sync_jsonl_source" ->
      """SELECT 'topic=' || event_type AS topic, event_id AS msg_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  make_timestamp(epoch_ms(ts) * 1000) AS publish_time
        |FROM events
        |WHERE event_type IN ('click', 'purchase', 'signup')
        |ORDER BY msg_id""".stripMargin,

    "sync_uri_topics" ->
      """SELECT (CASE WHEN regexp_matches(event_type, '^click') THEN 'web'
        |             WHEN regexp_matches(event_type, '^view') THEN 'web'
        |             WHEN regexp_matches(event_type, '^purchase') THEN 'commerce'
        |             ELSE event_type END)
        |    || '-' || strftime(ts, '%Y.%m.%d') AS es_index,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY es_index""".stripMargin,

    "sync_bulk_failures" ->
      """SELECT event_type || '-' || strftime(ts, '%Y.%m.%d') AS es_index,
        |  count(*) AS attempted,
        |  CAST(SUM(CASE WHEN regexp_matches(props, '"k": 5[0-9]\}') THEN 1 ELSE 0 END) AS BIGINT) AS failed,
        |  CAST(SUM(CASE WHEN regexp_matches(props, '"k": 5[0-9]\}') THEN 0 ELSE 1 END) AS BIGINT) AS written
        |FROM events GROUP BY 1 ORDER BY es_index""".stripMargin,

    "sync_metrics_scrape" ->
      """WITH d AS (
        |  SELECT event_type AS topic, ts,
        |    CASE WHEN event_type = 'purchase'
        |         THEN '{"app": "shop", "k": ' || json_extract(props, '$.k') || '}'
        |         WHEN event_type = 'click'
        |         THEN '{"app": 7, "k": ' || json_extract(props, '$.k') || '}'
        |         ELSE props END AS data
        |  FROM events
        |), b AS (
        |  SELECT topic || '-' || strftime(ts, '%Y.%m.%d') AS idx,
        |    CASE WHEN regexp_extract(data, '"app"\s*:\s*"([^"]*)"', 1) <> ''
        |         THEN regexp_extract(data, '"app"\s*:\s*"([^"]*)"', 1)
        |         ELSE '__DEFAULT_APP__' END AS app,
        |    CAST(SUM(CASE WHEN regexp_matches(data, '"k": 5[0-9]\}')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS written,
        |    CAST(SUM(CASE WHEN regexp_matches(data, '"k": 5[0-9]\}')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS failed
        |  FROM d GROUP BY 1, 2
        |)
        |SELECT metric_key, value FROM (
        |  SELECT 'graft_es_write_success_total{app="' || app
        |      || '",index="' || idx || '"}' AS metric_key,
        |    written AS value
        |  FROM b
        |  UNION ALL
        |  SELECT 'graft_es_write_failed_total{app="' || app
        |      || '",index="' || idx || '"}' AS metric_key,
        |    failed AS value
        |  FROM b
        |) ORDER BY metric_key""".stripMargin,

    "sync_watchdog" ->
      """WITH p AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS topic,
        |    count(*) AS n
        |  FROM events WHERE ts < TIMESTAMP '2024-01-07'
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT day, sum(n) AS day_n FROM p GROUP BY 1
        |), hot AS (
        |  SELECT p.day, p.topic FROM p JOIN tot USING (day)
        |  WHERE p.n * 5 > tot.day_n
        |), sets AS (
        |  SELECT t.day,
        |    COALESCE(string_agg(h.topic, ',' ORDER BY h.topic), '') AS topics,
        |    count(h.topic) AS n_topics
        |  FROM tot t LEFT JOIN hot h ON t.day = h.day
        |  GROUP BY t.day
        |), led AS (
        |  SELECT day, topics, n_topics,
        |    lag(topics) OVER (ORDER BY day) AS prev
        |  FROM sets
        |)
        |SELECT day, topics, CAST(n_topics AS BIGINT) AS n_topics,
        |  (n_topics > 0 AND (prev IS NULL OR prev <> topics)) AS resubscribed,
        |  CAST(sum(CASE WHEN prev IS NULL OR prev <> topics THEN 1 ELSE 0 END)
        |    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS generation
        |FROM led ORDER BY day""".stripMargin,

    "sync_metrics" ->
      """SELECT event_type AS topic, strftime(ts, '%Y.%m.%d') AS date_str,
        |  count(*) AS consumed,
        |  CAST(SUM(CASE WHEN regexp_matches(props, '"k": 4[0-9]\}') THEN 1 ELSE 0 END) AS BIGINT) AS debug_consumed
        |FROM events GROUP BY 1, 2 ORDER BY topic, date_str""".stripMargin,

    "sync_schema_drift" ->
      """WITH m AS (
        |  SELECT event_type AS topic, strftime(ts, '%Y.%m.%d') AS date_str,
        |    CASE WHEN event_id % 7 = 0
        |         THEN '{"k": 1, "f' || CAST(day(ts) AS VARCHAR) || '": 1}'
        |         ELSE props END AS data
        |  FROM events
        |), k AS (
        |  SELECT topic, date_str, list_sort(json_keys(data)) AS keys
        |  FROM m
        |  WHERE data IS NOT NULL AND json_valid(data)
        |    AND regexp_matches(data, '^\s*\{')
        |), v AS (
        |  SELECT topic, date_str, count(*) AS n_msgs,
        |    CAST(count(DISTINCT array_to_string(keys, ',')) AS BIGINT)
        |      AS n_variants
        |  FROM k GROUP BY 1, 2
        |), ke AS (
        |  SELECT DISTINCT topic, date_str, unnest(keys) AS key FROM k
        |), fd AS (
        |  SELECT topic, key, min(date_str) AS first_day FROM ke GROUP BY 1, 2
        |), nk AS (
        |  SELECT ke.topic, ke.date_str, count(*) AS n_new_keys
        |  FROM ke JOIN fd ON ke.topic = fd.topic AND ke.key = fd.key
        |  WHERE ke.date_str = fd.first_day
        |  GROUP BY 1, 2
        |)
        |SELECT v.topic, v.date_str, v.n_msgs, v.n_variants,
        |  COALESCE(nk.n_new_keys, 0) AS n_new_keys
        |FROM v LEFT JOIN nk
        |  ON v.topic = nk.topic AND v.date_str = nk.date_str
        |ORDER BY v.topic, v.date_str""".stripMargin,

    "sync_dlq" ->
      """WITH m AS (
        |  SELECT event_id AS msg_id, event_type AS topic,
        |    CASE WHEN event_id % 23 = 0
        |         THEN 'not-json:' || CAST(event_id AS VARCHAR)
        |         ELSE props END AS data
        |  FROM events
        |), c AS (
        |  SELECT msg_id, topic,
        |    CASE WHEN msg_id % 23 = 0 THEN 'parse'
        |         WHEN regexp_matches(data, '"k": 5[0-9]\}') THEN 'mapper'
        |         ELSE 'ok' END AS outcome
        |  FROM m
        |)
        |SELECT msg_id, topic, outcome,
        |  CASE WHEN outcome = 'mapper' THEN 3 ELSE 1 END AS attempts,
        |  CASE WHEN outcome = 'ok' THEN NULL
        |       ELSE topic || '-dlq' END AS dlq_index
        |FROM c ORDER BY msg_id""".stripMargin,

    "sync_backlog_eta" ->
      """WITH b AS (
        |  SELECT event_type AS app, count(*) AS backlog FROM events
        |  GROUP BY 1
        |), l AS (
        |  SELECT app, backlog,
        |    CASE app WHEN 'purchase' THEN 2 WHEN 'click' THEN 1
        |         ELSE 0 END AS rate_limit
        |  FROM b
        |)
        |SELECT app, backlog, CAST(rate_limit AS BIGINT) AS rate_limit,
        |  CAST(CASE WHEN rate_limit = 0 THEN 0
        |       ELSE (backlog + rate_limit - 1) // rate_limit END AS BIGINT)
        |    AS eta_hours
        |FROM l ORDER BY app""".stripMargin,

    "compaction_plan" ->
      """WITH f AS (
        |  SELECT event_type || '-' || strftime(ts, '%Y.%m.%d') AS es_index,
        |    CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_msgs,
        |    CAST(SUM(COALESCE(len(props), 0)) AS BIGINT) AS bytes
        |  FROM events GROUP BY 1, 2
        |), c AS (
        |  SELECT es_index, hr, n_msgs, bytes,
        |    SUM(bytes) OVER (PARTITION BY es_index ORDER BY hr
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM f
        |)
        |SELECT es_index, hr, n_msgs, bytes,
        |  CAST((greatest(cum, 1) - 1) // 16384 AS BIGINT) AS compact_group
        |FROM c ORDER BY es_index, hr""".stripMargin,
  )
}
