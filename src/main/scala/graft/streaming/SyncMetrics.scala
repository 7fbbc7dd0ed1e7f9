package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Runtime counters for the streaming sync — the engine analog of the
  * reference's prometheus registry (prometheus.rs): monotonically
  * increasing totals, scrape-able as a text snapshot. Progress-level
  * counters (rows in/processed, batch count) come from the
  * StreamingQueryListener; per-(index, app) written totals are fed by the
  * bulk metrics each sink commit returns ([[recordBulk]]). All
  * driver-side state is O(#labels) — counters only, never rows. */
object SyncMetrics {

  private val counters = new ConcurrentHashMap[String, LongAdder]()

  /** Label values are escaped as the exposition format requires
    * (backslash, double quote, newline): `index` and `app` come from
    * message payloads and must not break a scrape line. A null value is
    * the empty string. */
  def incBy(name: String, labels: Seq[(String, String)], v: Long): Unit = {
    val key = name + labels.sortBy(_._1)
      .map { case (k, x) => s"""$k="${escape(x)}"""" }.mkString("{", ",", "}")
    counters.computeIfAbsent(key, _ => new LongAdder).add(v)
  }

  private def escape(v: String): String = Option(v).getOrElse("").flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case c => c.toString
  }

  def value(key: String): Long =
    Option(counters.get(key)).map(_.sum()).getOrElse(0L)

  def reset(): Unit = counters.clear()

  /** prometheus-text-format-style snapshot (sorted for determinism). */
  def snapshot(): String = {
    import scala.jdk.CollectionConverters._
    counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k ${v.sum()}" }.mkString("\n")
  }

  /** Listener exporting per-batch progress counters
    * (pulsar_message_consumed_total analog at the query level). */
  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      incBy("graft_query_started_total",
        Seq("query" -> Option(e.name).getOrElse(e.id.toString)), 1)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val q = Option(e.progress.name).getOrElse(e.progress.id.toString)
      incBy("graft_batches_total", Seq("query" -> q), 1)
      incBy("graft_rows_consumed_total", Seq("query" -> q),
        e.progress.numInputRows)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      incBy("graft_query_terminated_total", Seq("query" -> e.id.toString), 1)
  }

  /** Record a sink bulk-metrics batch (index, app, written[, failed]) —
    * the write-success/failure counter pair of the reference's registry
    * (prometheus.rs; failures counted per bulk response, es.rs:133-191). */
  def recordBulk(metrics: org.apache.spark.sql.DataFrame): Unit = {
    val hasFailed = metrics.columns.contains("failed")
    metrics.collect().foreach { r =>
      val labels = Seq("index" -> r.getAs[String]("index"),
        "app" -> r.getAs[String]("app"))
      incBy("graft_es_write_success_total", labels, r.getAs[Long]("written"))
      if (hasFailed)
        incBy("graft_es_write_failed_total", labels, r.getAs[Long]("failed"))
    }
  }
}
