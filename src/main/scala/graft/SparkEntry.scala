package graft

import graft.functions.SyncFunctions._
import graft.operators.{SyncConfig, SyncPipeline}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the operator inventory.
  *
  * Oracle determinism rules (SURVEY.md §5): money/ratio aggregates are
  * summed as exact decimals then cast to double on BOTH sides; every
  * result has a total-order ORDER BY; hash-based ops use the portable
  * arithmetic of [[graft.functions.Portable]].
  */
object SparkEntry {

  /** Exact-decimal casts shared by Spark queries and mirrored in oracle SQL.
    * Narrow precisions keep every product/sum exactly representable in both
    * engines (SURVEY.md §5); results are rounded in the decimal domain and
    * only then cast to double, so the doubles are bit-identical. */
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(6, 4))
  private val one4: Column = lit(1).cast(DecimalType(6, 4))
  private def moneySum(c: Column): Column = round(sum(c), 2).cast("double")

  /** The oracle-checked demo config for the sync pipeline: drop k=13
    * globally, drop error-topic messages with k in 90..99, re-route
    * click/view → web and purchase → commerce, flag k=4x as debug. */
  private val demoCfg = SyncConfig(
    globalFilters = Seq("\"k\": 13\\}"),
    namespaceFilters = Map("error" -> Seq("\"k\": 9[0-9]\\}")),
    rewriteRules = Seq(("click", "web"), ("view", "web"), ("purchase", "commerce")),
    debugLogPatterns = Seq("\"k\": 4[0-9]\\}"))

  /** events table → the message-stream shape the pipeline consumes.
    * Rides [[Tables.eventsTime]] (micros TIMESTAMP, schema-adaptive), so
    * on the timestamp layout a publish_time range predicate pushes to
    * the parquet scan; values match the legacy nanos-div-1000 read. */
  private[graft] def messages(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTime(s, dir).select(
      col("event_id").as("msg_id"),
      col("event_type").as("topic"),
      col("ts").as("publish_time"),
      col("props").as("data"))

  /** events with micros event-time (shared by analytics queries). */
  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTime(s, dir)

  /** Flagship: full sync pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("sync_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++
    graft.queries.ABlock.queries(messages) ++
    graft.queries.BBlock.queries(eventsUs) ++
    graft.queries.CBlock.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── A-block: reference-surface operators ────────────────────────────
    "sync_pipeline" -> ((s, dir) => {
      SyncPipeline(demoCfg)(messages(s, dir))
        .select(col("msg_id"), col("index").as("es_index"), col("app"),
          col("is_debug"), col("field_count"))
        .orderBy(col("msg_id"))
    }),

    "sync_pipeline_stream" -> ((s, dir) => {
      // THE flagship under the oracle: the reference's entire
      // consume→sink loop (A15/A16) runs as a REAL stream — 5 one-file
      // micro-batches through the full transform chain, the
      // foreachBatch admission, and the commit-marker indexed sink —
      // and the STORE read back must hold exactly sync_pipeline's
      // relation; the IDENTICAL DuckDB SQL anchors both
      val batched = graft.streaming.StreamedBatch
        .chunked(messages(s, dir), 5, col("msg_id"))
      graft.streaming.StreamedBatch
        .syncedStore(s, batched, demoCfg, nBatches = 5)
        .select(col("msg_id"), col("index").as("es_index"), col("app"),
          col("is_debug"), col("field_count"))
        .orderBy(col("msg_id"))
    }),

    "sync_compacted_store" -> ((s, dir) => {
      // the store-level row ONE maintenance pass later: the same
      // 5-micro-batch replay through the full chain and the
      // commit-marker sink, then Compaction.compact rewrites the store
      // in place (salted buckets) BEFORE the read-back — the
      // flagship oracle SQL must still hold row for row
      val batched = graft.streaming.StreamedBatch
        .chunked(messages(s, dir), 5, col("msg_id"))
      graft.streaming.StreamedBatch
        .syncedCompactedStore(s, batched, demoCfg, nBatches = 5)
        .select(col("msg_id"), col("index").as("es_index"), col("app"),
          col("is_debug"), col("field_count"))
        .orderBy(col("msg_id"))
    }),

    "sync_parse" -> ((s, dir) => {
      messages(s, dir)
        .transform(SyncPipeline.parseable)
        .select(col("msg_id"),
          get_json_object(col("data"), "$.k").cast("long").as("k"))
        .orderBy(col("msg_id"))
    }),

    "sync_route_index" -> ((s, dir) => {
      messages(s, dir)
        .groupBy(esIndex(col("topic"), col("publish_time")).as("es_index"))
        .agg(count(lit(1)).as("consumed"))
        .orderBy(col("es_index"))
    }),

    // ── B-block: general analytics ──────────────────────────────────────
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(dec2(col("l_quantity"))).as("sum_qty"),
          moneySum(dec2(col("l_extendedprice"))).as("sum_base_price"),
          moneySum(dec2(col("l_extendedprice")) * (one4 - dec4(col("l_discount"))))
            .as("sum_disc_price"),
          moneySum(dec2(col("l_extendedprice")) * (one4 - dec4(col("l_discount")))
            * (one4 + dec4(col("l_tax")))).as("sum_charge"),
          round(moneySum(dec2(col("l_quantity"))) / count(lit(1)), 6).as("avg_qty"),
          round(moneySum(dec2(col("l_extendedprice"))) / count(lit(1)), 6).as("avg_price"),
          round(round(sum(dec4(col("l_discount"))), 4).cast("double") / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
  )

  def oracleSql: Map[String, String] = coreOracle ++
    graft.queries.ABlock.oracle ++ graft.queries.BBlock.oracle ++
    graft.queries.CBlock.oracle

  /** The flagship pipeline's oracle SQL — shared verbatim by
    * sync_pipeline, sync_pipeline_stream (the streamed store must hold
    * the batch relation), and sync_compacted_store (the OPTIMIZE pass
    * must not change it by a row). */
  private val pipelineOracleSql: String =
    """WITH msgs AS (
      |  SELECT event_id AS msg_id, event_type AS topic, ts AS publish_time, props AS data
      |  FROM events
      |), kept AS (
      |  SELECT * FROM msgs
      |  WHERE data IS NOT NULL AND data <> ''
      |    AND NOT regexp_matches(data, '"k": 13\}')
      |    AND json_valid(data) AND regexp_matches(data, '^\s*\{')
      |    AND NOT (topic = 'error' AND regexp_matches(data, '"k": 9[0-9]\}'))
      |)
      |SELECT msg_id,
      |  (CASE WHEN regexp_matches(topic, '^click') THEN 'web'
      |        WHEN regexp_matches(topic, '^view') THEN 'web'
      |        WHEN regexp_matches(topic, '^purchase') THEN 'commerce'
      |        ELSE topic END) || '-' || strftime(publish_time, '%Y.%m.%d') AS es_index,
      |  CASE WHEN regexp_extract(data, '"app"\s*:\s*"([^"]*)"', 1) <> ''
      |       THEN regexp_extract(data, '"app"\s*:\s*"([^"]*)"', 1)
      |       ELSE '__DEFAULT_APP__' END AS app,
      |  (COALESCE(json_extract_string(data, '$.level') = 'debug', FALSE)
      |     OR regexp_matches(data, '"k": 4[0-9]\}')) AS is_debug,
      |  len(json_keys(data)) AS field_count
      |FROM kept ORDER BY msg_id""".stripMargin

  private def coreOracle: Map[String, String] = Map(
    "sync_pipeline" -> pipelineOracleSql,
    "sync_pipeline_stream" -> pipelineOracleSql,
    "sync_compacted_store" -> pipelineOracleSql,

    "sync_parse" ->
      """SELECT event_id AS msg_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE props IS NOT NULL AND json_valid(props) AND regexp_matches(props, '^\s*\{')
        |ORDER BY msg_id""".stripMargin,

    "sync_route_index" ->
      """SELECT event_type || '-' || strftime(ts, '%Y.%m.%d') AS es_index,
        |       count(*) AS consumed
        |FROM events GROUP BY 1 ORDER BY es_index""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) / count(*), 6) AS avg_price,
        |  ROUND(CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(6,4))), 4) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
  )
}
